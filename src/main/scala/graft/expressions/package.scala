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
  *   - With `propagateNull` (the default) a null argument gives null
  *     without a call; `returnNullable = false` says the kernel itself
  *     never returns null.
  *   - `inputTypes`, when given, lists every argument's type; Spark casts
  *     an argument to it where it can.
  * `KernelCallParitySpec` runs every such builder both ways.
  *
  * A custom Catalyst `Expression` under `src/main` stays only for a reason
  * `StaticInvoke` cannot carry (`ExpressionSurfaceSpec` holds the list):
  *   - [[PolyHash]]: it runs interpreted per token inside `transform`
  *     (`TextOps.shingleHashesAll`, the dedup token hashes), where the
  *     reflective call measured +17% per op;
  *   - [[VectorDot]]: it runs interpreted per row and centroid or plane
  *     inside the IVF and LSH folds, where the reflective call measured
  *     +7%;
  *   - [[MarkerHits]], [[LangPredict]]: a reference-object marker table and
  *     a per-task counts buffer;
  *   - [[PretokenCount]]: a null string gives what `size(null)` gives;
  *   - [[SplitBucket]]: reference-object split points under Catalyst
  *     ordering;
  *   - [[PqEncode]]: reference-object codebooks with structural equality;
  *   - [[ProductAgg]]: an aggregate;
  *   - [[AboveWatermarkPredicate]]: streaming watermark semantics;
  *   - `graft.functions.BinaryStringApply`: the user-lambda surface itself.
  */
package object expressions {
  /** Spark 4 moved Column↔Expression bridging behind the classic shim. */
  def toExpr(c: Column): Expression = org.apache.spark.sql.graft.Bridge.toExpr(c)
  def toCol(e: Expression): Column = org.apache.spark.sql.graft.Bridge.toCol(e)
}
