package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions._

/** SQL-surface registration: every string kernel becomes a `graft_*` SQL
  * function in the session's registry, built by the same
  * [[graft.expressions.StringCalls]] builder as its Column-API spelling, so
  * the full engine is reachable from `spark.sql(...)` text (and thus from
  * any SQL-speaking client), not only the Column DSL. Call [[register]]
  * once per session — the same builders could be wired into
  * `SparkSessionExtensions.injectFunction` for cluster-wide deployment via
  * `spark.sql.extensions`.
  */
object SqlFunctions {

  private def str(e: Expression): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other =>
      throw new IllegalArgumentException(s"expected string literal, got $other")
  }
  private def int(e: Expression): Int = e match {
    case Literal(i: Int, _) => i
    case Literal(l: Long, _) => l.toInt
    case other =>
      throw new IllegalArgumentException(s"expected int literal, got $other")
  }

  private val builders: Map[String, Seq[Expression] => Expression] = Map(
    "graft_count" -> { case Seq(s, p) => StringCalls.count(s, p) },
    "graft_replace_n" ->
      { case Seq(s, p, r, n) => StringCalls.replaceN(s, p, r, int(n)) },
    "graft_slice" ->
      { case Seq(s, a, b, st) => StringCalls.slice(s, int(a), int(b), int(st)) },
    "graft_slice_replace" ->
      { case Seq(s, r, a, b) => StringCalls.sliceReplace(s, r, int(a), int(b)) },
    "graft_rfind" -> { case Seq(s, p) => StringCalls.rfind(s, p) },
    "graft_partition" ->
      { case Seq(s, sep, i) => StringCalls.partitionPart(s, sep, int(i), false) },
    "graft_rpartition" ->
      { case Seq(s, sep, i) => StringCalls.partitionPart(s, sep, int(i), true) },
    "graft_rsplit" -> { case Seq(s, sep, n) => StringCalls.rsplit(s, sep, int(n)) },
    "graft_is" -> { case Seq(s, kind) => StringCalls.is(s, str(kind)) },
    "graft_casefold" -> { case Seq(s) => StringCalls.caseFold(s) },
    "graft_normalize" -> { case Seq(s, f) => StringCalls.normalize(s, str(f)) },
    "graft_zfill" -> { case Seq(s, w) => StringCalls.zfill(s, int(w)) },
    "graft_wrap" -> { case Seq(s, w) => StringCalls.wrap(s, int(w)) },
    "graft_swapcase" -> { case Seq(s) => StringCalls.swapCase(s) },
    "graft_polyhash" -> { case Seq(s) => StringCalls.polyHash(s) },
    // Bloom membership surface (Spark's internal runtime-filter aggregate,
    // exposed as a first-class SQL pair — see Dedup.ngramContaminationBloom
    // for the operator-level use): build with
    //   graft_bloom_agg(xxhash64(col), estimatedItems, numBits)
    // probe with graft_might_contain(bf, xxhash64(col)).
    "graft_bloom_agg" -> { case Seq(c, n, b) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(c, n, b).toAggregateExpression() },
    "graft_might_contain" -> { case Seq(bf, v) =>
      org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(bf, v) })

  /** Register all graft_* SQL functions into this session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      org.apache.spark.sql.graft.Bridge.registerFunction(spark, name, b)
    }

  /** Same surface via SparkSessionExtensions (for `spark.sql.extensions`
    * deployment — see graft.plans.GraftSparkExtensions). */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions.SqlFunctions", name),
        (args: Seq[Expression]) => b(args)))
    }
}
