package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression running one [[graft.functions.Dsp]] kernel
  * per cell of a `double` array column: the execution form of every heavy
  * DSP processor (Framing, Windowing, FFT, Filterbank, Aggregation, FIR,
  * Resample).
  *
  * Input is read with `ArrayData.toDoubleArray` and output written with
  * `UnsafeArrayData.fromPrimitiveArray`, so samples move as primitive
  * `double[]` end to end: no per-sample boxing (a UDF over
  * `Seq[Double]` boxes every sample in and out) and no interpreted
  * lambda per element (the higher-order-function form). Per-cell kernel
  * work is the whole cost, so interpreted eval of the children via
  * CodegenFallback costs nothing measurable — the [[ShingleDigests]]
  * trade.
  *
  * `children` are the data column, nested `depth` levels deep, and an
  * optional per-row `double` scalar (Framing's sample rate). The kernel
  * `fn` consumes a unit of rank `fn.inRank` (1 = a vector, 2 = rows of
  * vectors); the `depth - fn.inRank` outer levels are mapped element by
  * element. One rule for degenerate input: a null cell, a null scalar or
  * a null element on a mapped level yields null; empty input is handed
  * to the kernel, whose empty result stays empty.
  */
case class DspKernel(children: Seq[Expression], depth: Int, fn: DspKernel.Fn,
    name: String) extends Expression with CodegenFallback {

  require(children.length == 1 || children.length == 2,
    "a DSP kernel takes a data column and at most one scalar")
  require(depth >= fn.inRank, s"$name needs an input of depth >= ${fn.inRank}, got $depth")

  override def checkInputDataTypes(): TypeCheckResult = {
    def doubles(t: DataType, d: Int): Boolean = t match {
      case ArrayType(e, _) => d > 0 && doubles(e, d - 1)
      case _ => d == 0 && t == DoubleType
    }
    if (!doubles(children.head.dataType, depth))
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs double arrays nested $depth " +
        s"deep, got ${children.head.dataType.simpleString}")
    else if (children.tail.exists(_.dataType != DoubleType))
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs a double scalar")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = DspKernel.nested(depth - fn.inRank + fn.outRank)

  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val data = children.head.eval(input)
    val scalar = if (children.length > 1) children(1).eval(input) else Double.NaN
    if (data == null || scalar == null) null
    else mapOuter(data.asInstanceOf[ArrayData], depth - fn.inRank, scalar.asInstanceOf[Double])
  }

  private def mapOuter(a: ArrayData, levels: Int, s: Double): ArrayData =
    if (levels == 0) fn(a, s)
    else {
      val out = new Array[Any](a.numElements())
      var i = 0
      while (i < out.length) {
        if (!a.isNullAt(i)) out(i) = mapOuter(a.getArray(i), levels - 1, s)
        i += 1
      }
      new GenericArrayData(out)
    }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DspKernel = copy(children = newChildren)

  // the kernel function prints as an opaque lambda; the name says what runs
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def prettyName: String = s"graft_dsp_$name"
}

object DspKernel {
  /** `array<double>` nested `depth` levels; innermost vectors hold no nulls. */
  def nested(depth: Int): DataType =
    (2 to depth).foldLeft(ArrayType(DoubleType, containsNull = false): DataType)(
      (t, _) => ArrayType(t, containsNull = true))

  private def vec(a: Array[Double]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)

  /** A kernel over one unit: its input and output rank and the function. */
  sealed trait Fn extends Serializable {
    def inRank: Int
    def outRank: Int
    def apply(a: ArrayData, s: Double): ArrayData
  }

  /** Vector → vector (FFT, Filterbank, Windowing, FIR, Resample). */
  final case class VecToVec(f: Array[Double] => Array[Double]) extends Fn {
    def inRank = 1
    def outRank = 1
    def apply(a: ArrayData, s: Double): ArrayData = vec(f(a.toDoubleArray()))
  }

  /** Vector + per-row scalar → rows (Framing). */
  final case class VecToRows(f: (Array[Double], Double) => Array[Array[Double]]) extends Fn {
    def inRank = 1
    def outRank = 2
    def apply(a: ArrayData, s: Double): ArrayData =
      new GenericArrayData(f(a.toDoubleArray(), s).map(r => vec(r): Any))
  }

  /** Rows → vector (Aggregation); a null row makes the cell null. */
  final case class RowsToVec(f: Array[Array[Double]] => Array[Double]) extends Fn {
    def inRank = 2
    def outRank = 1
    def apply(a: ArrayData, s: Double): ArrayData = {
      val rows = new Array[Array[Double]](a.numElements())
      var i = 0
      while (i < rows.length) {
        if (a.isNullAt(i)) return null
        rows(i) = a.getArray(i).toDoubleArray()
        i += 1
      }
      vec(f(rows))
    }
  }
}
