package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: nearest-centroid assignment of one
  * float-array embedding against the WHOLE broadcast centroid table in
  * a single row-level loop — `struct(cell, dist2)` of the argmin by
  * exact integer squared distance with cell-asc tie-break.
  *
  * Inputs: `emb` array<float> (e4-quantized on the fly, the same
  * floor(x·10⁴ + 0.5) [[Dist2Q]] applies), `cells` array<long> of cell
  * ids SORTED ASCENDING, `cvecs` array<array<long>> of the matching
  * quantized centroid vectors. Because cells arrive sorted and the min
  * is kept strictly (`<`), the first minimum wins — identical to the
  * relational argmin's (dist2, cell) ordering.
  *
  * It computes the cell ON the embedding row — no exchange at all —
  * where [[graft.operators.Similarity]]'s dim-join ranker `rankedTo`
  * materializes N·d·k rows through an aggregate and a rank window.
  * Same integers, same tie-break, so assignments can never differ
  * (`KernelEquivalenceSpec`).
  */
case class ArgminCellQ(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArgminCellQ.outType

  // the embedding may arrive as array<float> (the corpus tables) or
  // array<double> (derived frames, e.g. SQL transform() replicas) —
  // a float widens to double exactly, so both quantize identically to
  // the relational CAST(x AS DOUBLE) route. Anything else must fail
  // analysis: ArrayData.getFloat on a double array silently misreads.
  private lazy val embIsFloat: Boolean = first.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    first.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argmin_cell_q expects array<float> or array<double> embeddings, got $t")
    }

  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): ArgminCellQ = copy(f, s, t)

  override def nullSafeEval(e: Any, cs: Any, vs: Any): Any = {
    val emb = e.asInstanceOf[ArrayData]
    val cells = cs.asInstanceOf[ArrayData]
    val cvecs = vs.asInstanceOf[ArrayData]
    val d = emb.numElements()
    val q = new Array[Long](d)
    var i = 0
    while (i < d) {
      val x = if (embIsFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
      q(i) = math.floor(x * 10000.0 + 0.5).toLong
      i += 1
    }
    var bestCell = 0L
    var bestDist = Long.MaxValue
    var j = 0
    val k = cells.numElements()
    while (j < k) {
      val cv = cvecs.getArray(j)
      val n = math.min(d, cv.numElements())
      var acc = 0L
      var t = 0
      while (t < n) {
        val diff = q(t) - cv.getLong(t)
        acc += diff * diff
        t += 1
      }
      if (acc < bestDist) { bestDist = acc; bestCell = cells.getLong(j) }
      j += 1
    }
    InternalRow(bestCell, bestDist)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, cs, vs) => {
      val d = ctx.freshName("d")
      val q = ctx.freshName("q")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val k = ctx.freshName("k")
      val cv = ctx.freshName("cv")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val diff = ctx.freshName("diff")
      val bestCell = ctx.freshName("bestCell")
      val bestDist = ctx.freshName("bestDist")
      val get =
        if (embIsFloat) s"((double) $e.getFloat($i))" else s"$e.getDouble($i)"
      s"""
        int $d = $e.numElements();
        long[] $q = new long[$d];
        for (int $i = 0; $i < $d; $i++) {
          $q[$i] = (long) java.lang.Math.floor($get * 10000.0 + 0.5);
        }
        long $bestCell = 0L;
        long $bestDist = Long.MAX_VALUE;
        int $k = $cs.numElements();
        for (int $j = 0; $j < $k; $j++) {
          org.apache.spark.sql.catalyst.util.ArrayData $cv = $vs.getArray($j);
          int $n = java.lang.Math.min($d, $cv.numElements());
          long $acc = 0L;
          for (int $t = 0; $t < $n; $t++) {
            long $diff = $q[$t] - $cv.getLong($t);
            $acc += $diff * $diff;
          }
          if ($acc < $bestDist) { $bestDist = $acc; $bestCell = $cs.getLong($j); }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          new Object[]{ java.lang.Long.valueOf($bestCell), java.lang.Long.valueOf($bestDist) });
      """
    })
}

object ArgminCellQ {
  val outType: StructType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("dist2", LongType, nullable = false)))

  /** Column API: argmin_cell_q(emb, cells, cvecs) → struct(cell, dist2).
    * Resolves through the function registry (GraftExtensions). */
  def argminCellQ(emb: Column, cells: Column, cvecs: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "argmin_cell_q", emb, cells, cvecs)
}
