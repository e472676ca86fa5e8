package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.{toCol, toExpr, UserKernels}

/** User-extension surface: apply an element-wise binary function over two
  * string columns (the Spark-native spelling of the reference's
  * `apply_binary_str`, string.py:1046-1119 + the jitclass harness
  * string_array.py:48-171).
  *
  * The reference's contract — "handling of missing data and chunking is
  * done automatically" — maps directly: null propagation comes from
  * [[BinaryExpression.nullSafeEval]], and Spark's partition/batch execution
  * replaces Arrow chunk iteration. The user function sees [[UTF8String]]
  * (zero-copy into Tungsten memory, like the reference's numba view into
  * Arrow buffers) and returns any value matching the declared Catalyst
  * `DataType`.
  *
  * PERFORMANCE CONTRACT (mirrors SURVEY.md §4): a lambda cannot be
  * code-generated, so [[BinaryStringApply]] is a [[CodegenFallback]] — it
  * executes correctly inside any plan but breaks the whole-stage-codegen
  * span it appears in. That is the same per-row-call shape as a Scala UDF,
  * minus the UTF8String→String→UTF8String conversions. For hot paths,
  * promote the lambda to a static Java kernel plus one Spark
  * `StaticInvoke`: codegen splices the kernel in as one static call, and
  * there is no Expression class to write (the `graft.expressions` package
  * scaladoc gives the contract). [[prefixLength]] is the worked example;
  * the string kernels behind [[graft.expressions.StringCalls]] are the
  * rest.
  */
object UdfSurface {

  /** Element-wise binary string function application. Nulls in either input
    * yield null; `out` declares the result type (e.g. `IntegerType`,
    * `StringType` — return the matching internal value: `Int`, `UTF8String`,
    * ...). The function must be serializable (any pure Scala lambda is).
    */
  def applyBinaryStr(a: Column, b: Column, out: DataType)(
      f: (UTF8String, UTF8String) => Any): Column =
    toCol(BinaryStringApply(toExpr(a), toExpr(b), out, f))

  /** The lambda spelling of the reference test-suite's worked user kernel
    * `prefix_length` (tests/test_text.py:967-984): byte-wise longest common
    * prefix. This is what a user writes FIRST — correct, null-safe, but
    * interpreted per row and a codegen-span break (see the class doc).
    */
  def prefixLengthLambda(a: Column, b: Column): Column =
    applyBinaryStr(a, b, IntegerType) { (x, y) =>
      val n = math.min(x.numBytes, y.numBytes)
      var i = 0
      while (i < n && x.getByte(i) == y.getByte(i)) i += 1
      i
    }

  /** The PROMOTED spelling of the same kernel — the worked example of this
    * surface's performance contract. The lambda body moved verbatim into
    * [[graft.expressions.UserKernels.prefixLength]] (static Java, zero-copy
    * over Tungsten bytes), and one `StaticInvoke` splices the call into
    * whole-stage codegen, exactly as the reference promotes a plain-Python
    * kernel to a numba-jitted one (string.py:1046-1119). Null handling is
    * the lambda's: a null input gives null without a call. `UdfSurfaceSpec`
    * pins both paths equal on a null-bearing corpus; the plan test there
    * pins this one INSIDE a WholeStageCodegen span and the lambda outside.
    */
  def prefixLength(a: Column, b: Column): Column =
    toCol(StaticInvoke(classOf[UserKernels], IntegerType, "prefixLength",
      Seq(toExpr(a), toExpr(b)), returnNullable = false))
}

/** Eval-mode expression carrying the user's element-wise function. Null
  * handling is inherited (any null input → null output, like the
  * reference's validity-bitmap AND, string.py:393-420). */
case class BinaryStringApply(left: Expression, right: Expression,
    outType: DataType, f: (UTF8String, UTF8String) => Any)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = outType
  override def nullSafeEval(a: Any, b: Any): Any =
    f(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}
