package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native vector-vs-matrix kernels for the quantizer hot paths (IVF cell
  * assignment, IVF probe ranking, PQ encode).
  *
  * Why these exist: the previous composition built one literal
  * expression PER MATRIX ELEMENT — `array(struct(dot(emb,
  * array(lit,…×64)), …) ×16)` is ~1k literal subexpressions, and Janino
  * refuses generated methods past 64 KB, so exactly the per-corpus-row
  * stages these feed (cell assignment inside the candidate scan, PQ
  * encode) fell OUT of whole-stage codegen into interpreted fallback.
  * Here the matrix rides as a codegen REFERENCE OBJECT (`double[][]` in
  * the plan's references array, one per plan, shared across rows) and
  * the generated code is a tiny nested loop — stages stay codegen'd no
  * matter how many centroids/codewords the quantizer has. At 100 TB
  * that bound matters: cells and codebooks GROW with corpus size (√n
  * cells is the usual IVF sizing), and a kernel whose code size is
  * O(1) in the quantizer size is the only shape that survives it.
  *
  * Arithmetic parity (what keeps every result bit-identical to the
  * literal composition and the DuckDB twins): each dot accumulates
  * left-to-right (`acc += x·c`, same fp sequence as [[DotProduct]] and
  * the oracles' sequential `list_sum`), tie-breaks replicate the struct
  * orderings they replace (`array_max` on (score, cell) → ties take the
  * LARGER index; `array_min` on (dist, idx) → ties take the SMALLER),
  * and [[NearestCode]]'s `½‖c‖²` constants are folded with the same
  * left-to-right sum the literal `lit(0.5 * c.map(x*x).sum)` used.
  */
object MatVec {

  /** Centroid/codebook matrix wrapper: value equality (expression
    * canonicalization compares constructor args) and a compact toString
    * (a bare Array would print thousands of doubles into every explain
    * and PlanDump file). */
  final class Mat(val rows: Array[Array[Double]]) extends Serializable {
    require(rows.nonEmpty, "empty matrix")
    override def equals(o: Any): Boolean = o match {
      case m: Mat =>
        rows.length == m.rows.length &&
          rows.indices.forall(i => java.util.Arrays.equals(rows(i), m.rows(i)))
      case _ => false
    }
    override def hashCode: Int =
      java.util.Arrays.deepHashCode(rows.asInstanceOf[Array[AnyRef]])
    override def toString: String = s"mat[${rows.length}x${rows(0).length}]"

    /** ½‖row‖² per row, folded left-to-right — the [[NearestCode]]
      * distance constants, bit-identical to `0.5 * c.map(x*x).sum`. */
    lazy val halfNorms: Array[Double] = rows.map(r => 0.5 * r.map(x => x * x).sum)
  }

  object Mat {
    def apply(rows: Seq[Array[Double]]): Mat = new Mat(rows.toArray)
  }

  private[plans] trait VecChild { self: UnaryExpression =>
    protected def isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    protected def checkVec(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"child must be array<float|double>, got $other")
    }
    protected def getElem(a: ArrayData, i: Int): Double =
      if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
    protected def getElemCode(a: String, i: String): String =
      if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
  }

  /** `mat_dots(vec)`: array of Σ vecᵢ·rowᵢ, one per matrix row — the
    * probe-side coarse scores. Each dot runs over the common prefix of
    * vec and the row, matching [[DotProduct]]. */
  case class MatDots(child: Expression, mat: Mat)
      extends UnaryExpression with VecChild {

    override def checkInputDataTypes(): TypeCheckResult = checkVec()
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    override def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val rows = mat.rows
      val out = new Array[Double](rows.length)
      var r = 0
      while (r < rows.length) {
        val c = rows(r)
        val n = math.min(a.numElements(), c.length)
        var acc = 0.0; var i = 0
        while (i < n) { acc += getElem(a, i) * c(i); i += 1 }
        out(r) = acc
        r += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val m = ctx.addReferenceObj("mat", mat.rows, "double[][]")
        val out = ctx.freshName("out"); val r = ctx.freshName("r")
        val c = ctx.freshName("c"); val n = ctx.freshName("n")
        val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
        s"""
           |double[] $out = new double[$m.length];
           |for (int $r = 0; $r < $m.length; $r++) {
           |  double[] $c = $m[$r];
           |  int $n = java.lang.Math.min($a.numElements(), $c.length);
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $acc += ${getElemCode(a, i)} * $c[$i];
           |  }
           |  $out[$r] = $acc;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): MatDots =
      copy(child = newChild)
  }

  /** `arg_max_dot(vec)`: index of the matrix row with the largest dot —
    * the IVF coarse-cell assignment, one per CORPUS row. Ties take the
    * larger index, replicating `array_max` over (score, cell) structs
    * (lexicographic max → equal scores fall to the larger cell id). */
  case class ArgMaxDot(child: Expression, mat: Mat)
      extends UnaryExpression with VecChild {

    override def checkInputDataTypes(): TypeCheckResult = checkVec()
    override def dataType: DataType = IntegerType

    override def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val rows = mat.rows
      var best = Double.NegativeInfinity; var idx = 0
      var r = 0
      while (r < rows.length) {
        val c = rows(r)
        val n = math.min(a.numElements(), c.length)
        var acc = 0.0; var i = 0
        while (i < n) { acc += getElem(a, i) * c(i); i += 1 }
        if (acc >= best) { best = acc; idx = r }
        r += 1
      }
      java.lang.Integer.valueOf(idx)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val m = ctx.addReferenceObj("mat", mat.rows, "double[][]")
        val best = ctx.freshName("best"); val idx = ctx.freshName("idx")
        val r = ctx.freshName("r"); val c = ctx.freshName("c")
        val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
        val i = ctx.freshName("i")
        s"""
           |double $best = java.lang.Double.NEGATIVE_INFINITY;
           |int $idx = 0;
           |for (int $r = 0; $r < $m.length; $r++) {
           |  double[] $c = $m[$r];
           |  int $n = java.lang.Math.min($a.numElements(), $c.length);
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $acc += ${getElemCode(a, i)} * $c[$i];
           |  }
           |  if ($acc >= $best) { $best = $acc; $idx = $r; }
           |}
           |${ev.value} = $idx;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): ArgMaxDot =
      copy(child = newChild)
  }

  /** `nearest_code(subvec)`: index of the matrix row minimizing
    * `½‖c‖² − subvec·c` (≡ argmin ‖subvec − c‖²) — the PQ encode, one
    * per corpus row PER SUBSPACE. Ties take the smaller index,
    * replicating `array_min` over (dist, idx) structs. */
  case class NearestCode(child: Expression, mat: Mat)
      extends UnaryExpression with VecChild {

    override def checkInputDataTypes(): TypeCheckResult = checkVec()
    override def dataType: DataType = IntegerType

    override def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val rows = mat.rows
      val half = mat.halfNorms
      var best = Double.PositiveInfinity; var idx = 0
      var r = 0
      while (r < rows.length) {
        val c = rows(r)
        val n = math.min(a.numElements(), c.length)
        var acc = 0.0; var i = 0
        while (i < n) { acc += getElem(a, i) * c(i); i += 1 }
        val d = half(r) - acc
        if (d < best) { best = d; idx = r }
        r += 1
      }
      java.lang.Integer.valueOf(idx)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val m = ctx.addReferenceObj("mat", mat.rows, "double[][]")
        val h = ctx.addReferenceObj("halfNorms", mat.halfNorms, "double[]")
        val best = ctx.freshName("best"); val idx = ctx.freshName("idx")
        val r = ctx.freshName("r"); val c = ctx.freshName("c")
        val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
        val i = ctx.freshName("i"); val d = ctx.freshName("d")
        s"""
           |double $best = java.lang.Double.POSITIVE_INFINITY;
           |int $idx = 0;
           |for (int $r = 0; $r < $m.length; $r++) {
           |  double[] $c = $m[$r];
           |  int $n = java.lang.Math.min($a.numElements(), $c.length);
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $acc += ${getElemCode(a, i)} * $c[$i];
           |  }
           |  double $d = $h[$r] - $acc;
           |  if ($d < $best) { $best = $d; $idx = $r; }
           |}
           |${ev.value} = $idx;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): NearestCode =
      copy(child = newChild)
  }

  /** Column-level entry points. */
  def dots(vec: Column, rows: Seq[Array[Double]]): Column =
    ColumnBridge.column(MatDots(ColumnBridge.expression(vec), Mat(rows)))
  def argMaxDot(vec: Column, rows: Seq[Array[Double]]): Column =
    ColumnBridge.column(ArgMaxDot(ColumnBridge.expression(vec), Mat(rows)))
  def nearestCode(vec: Column, rows: Seq[Array[Double]]): Column =
    ColumnBridge.column(NearestCode(ColumnBridge.expression(vec), Mat(rows)))
}
