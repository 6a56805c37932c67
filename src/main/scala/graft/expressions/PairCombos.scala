package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Unordered-pair emission from a posting list — the native kernel behind
  * [[graft.queries.QueryHelpers.shingleEdgesWeighted]]'s pair stage. The
  * double-explode spelling
  * `select(explode(docs).as("src"), docs).select(src, explode(docs).as("dst"))
  *   .filter(dst > src)`
  * drives TWO Generate operators over every posting list and materializes
  * |docs|² ordered rows to keep |docs|·(|docs|−1)/2 — and since most
  * shingles have df = 1, most of that machinery runs to emit nothing.
  * One kernel pass emits exactly the surviving pairs (guide §4 / §2.3:
  * fewer rows into the pair shuffle's map side).
  *
  * Bag-parity contract (pinned in PairCombosSpec): for every unordered
  * index pair i < j the kernel emits `(min(vᵢ,vⱼ), max(vᵢ,vⱼ))` when the
  * two values differ, skipping pairs where either value is null or the
  * values are equal — exactly the multiset the double explode + strict
  * `dst > src` filter keeps (for values u < v with multiplicities
  * cnt(u)·cnt(v) ordered emissions survive the filter; index pairs i < j
  * over the same positions count cnt(u)·cnt(v) too). Null array → null
  * (explode then drops the row, as it dropped the null-docs row before).
  */
object PairCombos {

  private val ElemType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))

  val OutType: ArrayType = ArrayType(ElemType, containsNull = false)

  private val MaxCapacityHint = 1024L

  /** Boxed so codegen can branch on null; called from both eval paths. */
  def combosKernel(a: ArrayData): ArrayData = {
    val n = a.numElements()
    // capacity hint in Long (n·(n−1)/2 overflows Int from n = 46,342),
    // clamped: equal or null elements emit far fewer pairs than the bound
    val out = new java.util.ArrayList[AnyRef](
      math.min(n.toLong * (n - 1) / 2, MaxCapacityHint).toInt)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = a.getLong(i)
        var j = i + 1
        while (j < n) {
          if (!a.isNullAt(j)) {
            val y = a.getLong(j)
            if (x != y) {
              val row = if (x < y) InternalRow(x, y) else InternalRow(y, x)
              out.add(row)
            }
          }
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def pair_combos(docs: Column): Column =
    ColumnBridge.column(PairCombosExpr(ColumnBridge.expression(docs)))
}

case class PairCombosExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = PairCombos.OutType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_pair_combos"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_pair_combos needs array<bigint>, got $other")
    }

  override def nullSafeEval(a: Any): Any =
    PairCombos.combosKernel(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, ca =>
      s"${ev.value} = graft.expressions.PairCombos.combosKernel($ca);")

  override protected def withNewChildInternal(newChild: Expression): PairCombosExpr =
    copy(child = newChild)
}
