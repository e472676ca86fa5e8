package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** graft's Catalyst surface. A kernel is a static Java method over
  * Tungsten values ([[StringKernels]], [[VectorKernels]], [[UserKernels]])
  * and reaches a plan as one Spark `StaticInvoke`, which whole-stage
  * codegen splices in as the single static call and an interpreted plan
  * makes by reflection. There is no Expression class to write per kernel.
  *   - A scalar parameter travels as a `Literal` argument of the Java
  *     parameter's type (`Literal(n: Int)` for `int`): an interpreted plan
  *     finds the method by the arguments' classes.
  *   - A driver-held object (a `Normalizer.Form`, a [[VectorSet]] of
  *     planes, centroids or codebooks) travels as an `ObjectType` literal,
  *     a reference object in generated code.
  *   - With `propagateNull` (the default) a null argument gives null
  *     without a call; `returnNullable = false` says the kernel itself
  *     never returns null.
  *   - `inputTypes`, when given, lists every argument's type; Spark casts
  *     an argument to it where it can.
  *   - A kernel is never called from inside a higher-order-function lambda
  *     (`transform`, `aggregate`, `array_sort`): those are CodegenFallback,
  *     so the lambda would run interpreted and take its plan node out of
  *     whole-stage codegen. A per-element fold is one whole-array kernel
  *     instead (`KernelPlanGuardSpec` checks the operators' plans).
  * `KernelCallParitySpec` runs every such builder both ways.
  *
  * A custom Catalyst `Expression` under `src/main` stays only for a reason
  * `StaticInvoke` cannot carry (`ExpressionSurfaceSpec` holds the list):
  *   - [[MarkerHits]], [[LangPredict]]: a reference-object marker table and
  *     a per-task counts buffer;
  *   - [[PretokenCount]]: a null string gives what `size(null)` gives;
  *   - [[SplitBucket]]: reference-object split points under Catalyst
  *     ordering;
  *   - [[ProductAgg]]: an aggregate;
  *   - [[AboveWatermarkPredicate]]: streaming watermark semantics;
  *   - `graft.functions.BinaryStringApply`: the user-lambda surface itself.
  */
package object expressions {
  /** Spark 4 moved Column↔Expression bridging behind the classic shim. */
  def toExpr(c: Column): Expression = org.apache.spark.sql.graft.Bridge.toExpr(c)
  def toCol(e: Expression): Column = org.apache.spark.sql.graft.Bridge.toCol(e)
}
