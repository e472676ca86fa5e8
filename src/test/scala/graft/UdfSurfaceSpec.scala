package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.UdfSurface.applyBinaryStr

/** Pins the user-extension surface (reference string.py:1046-1119):
  * element-wise binary string functions with automatic null propagation.
  */
class UdfSurfaceSpec extends SparkTestBase {
  import spark.implicits._

  test("applyBinaryStr: scalar-returning function over two string columns") {
    // shared-prefix length — the kind of kernel a user would jit in the
    // reference (tests exercise text_algorithms-style funcs)
    val prefixLen = (a: UTF8String, b: UTF8String) => {
      val x = a.toString; val y = b.toString
      var i = 0
      while (i < math.min(x.length, y.length) && x(i) == y(i)) i += 1
      i
    }
    val df = Seq(("flatmap", "flatten"), ("spark", "sql"), ("", "x"))
      .toDF("a", "b")
    val out = df.select(applyBinaryStr($"a", $"b", IntegerType)(prefixLen))
      .as[Int].collect()
    assert(out.toSeq === Seq(4, 1, 0))
  }

  test("applyBinaryStr: string-returning function") {
    val interleave = (a: UTF8String, b: UTF8String) =>
      UTF8String.fromString(
        a.toString.zipAll(b.toString, ' ', ' ').map { case (x, y) => s"$x$y" }
          .mkString.trim)
    val df = Seq(("abc", "123")).toDF("a", "b")
    val out = df.select(applyBinaryStr($"a", $"b", StringType)(interleave))
      .as[String].head()
    assert(out === "a1b2c3")
  }

  test("applyBinaryStr: nulls propagate (validity-bitmap AND semantics)") {
    val df = Seq(("a", Option("b")), ("c", None))
      .toDF("a", "b")
    val safe = (a: UTF8String, b: UTF8String) => a.numChars() + b.numChars()
    val vals = df.select(applyBinaryStr($"a", $"b", IntegerType)(safe))
      .collect()
    assert(!vals(0).isNullAt(0) && vals(0).getInt(0) === 2)
    assert(vals(1).isNullAt(0))
  }

  // ---- the worked promotion example: lambda → static Java + StaticInvoke ----

  test("promoted PrefixLength == lambda spelling (multi-byte, nulls, empties)") {
    // byte-wise LCP: 'é' = C3 A9 vs 'è' = C3 A8 share ONE byte — pins that
    // both paths compare raw UTF-8 bytes (the reference's numba kernels see
    // byte views, tests/test_text.py:967-984), not decoded codepoints
    val rows = Seq(
      ("héllo", "hello"), ("é", "è"), ("中文ab", "中文xy"), ("中", "丮"),
      ("flatmap", "flatten"), ("", ""), ("", "x"), ("same", "same"),
      ("abc", null), (null, "x"), (null, null))
    val df = rows.toDF("a", "b").repartition(3)
    val out = df.select(
      graft.functions.UdfSurface.prefixLength($"a", $"b").as("p"),
      graft.functions.UdfSurface.prefixLengthLambda($"a", $"b").as("l"))
      .collect()
    for (r <- out)
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getInt(0) == r.getInt(1)),
        s"promoted and lambda paths disagree on $r")
    // repartition scrambled row order, so key expectations by (a, b)
    val ordered = df.select($"a", $"b",
        graft.functions.UdfSurface.prefixLength($"a", $"b").as("p"))
      .collect()
      .map(r => ((Option(r.getString(0)), Option(r.getString(1))),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    assert(ordered((Some("é"), Some("è"))) === Some(1))      // shared lead byte
    assert(ordered((Some("héllo"), Some("hello"))) === Some(1))
    assert(ordered((Some("中"), Some("丮"))) === Some(2))     // E4 B8 AD vs E4 B8 AE
    assert(ordered((Some("same"), Some("same"))) === Some(4))
    assert(ordered((Some(""), Some("x"))) === Some(0))
    assert(ordered((Some("abc"), None)) === None)
    assert(ordered((None, None)) === None)
  }

  test("promoted kernel joins the codegen span; the lambda breaks it") {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import graft.functions.BinaryStringApply
    // Type-based span membership (not toString matching, which breaks on any
    // prettyName / plan-rendering change): the expressions of the plan nodes
    // inside a WholeStageCodegenExec, stopping at InputAdapter (nodes below
    // it are OUTSIDE the generated function).
    def spanExprs(w: WholeStageCodegenExec): Seq[Expression] = {
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: InputAdapter => Nil
        case _ => p +: p.children.flatMap(nodes)
      }
      nodes(w.child).flatMap(_.expressions)
        .flatMap(_.collect { case e => e })
    }
    val df = spark.read.parquet(s"$sf0001/part.parquet")
    val promoted = df.select(
      graft.functions.UdfSurface.prefixLength($"p_name", $"p_type").as("n"))
    val spans = promoted.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w
    }
    def isPromoted(e: Expression): Boolean = e match {
      case s: StaticInvoke => s.functionName == "prefixLength" &&
        s.staticObject == classOf[graft.expressions.UserKernels]
      case _ => false
    }
    assert(spans.exists(spanExprs(_).exists(isPromoted)),
      s"promoted kernel fell out of whole-stage codegen:\n" +
        promoted.queryExecution.executedPlan)

    val lambda = df.select(
      graft.functions.UdfSurface.prefixLengthLambda($"p_name", $"p_type").as("n"))
    val lambdaPlan = lambda.queryExecution.executedPlan
    val lambdaSpans = lambdaPlan.collect { case w: WholeStageCodegenExec => w }
    assert(!lambdaSpans.exists(
        spanExprs(_).exists(_.isInstanceOf[BinaryStringApply])),
      "CodegenFallback lambda unexpectedly inside a codegen span — the " +
        "performance contract in UdfSurface's doc is stale:\n" + lambdaPlan)
    // ... and it still EXECUTES in the plan (outside any span), so the
    // assertion above can't green-wash an optimized-away projection.
    assert(lambdaPlan.collect { case p => p }
        .flatMap(_.expressions).flatMap(_.collect { case e => e })
        .exists(_.isInstanceOf[BinaryStringApply]),
      s"lambda expression missing from the executed plan entirely:\n$lambdaPlan")
  }

  test("applyBinaryStr runs distributed over parquet-backed scans") {
    val df = spark.read.parquet(s"$sf0001/part.parquet")
    val out = df.select(
        applyBinaryStr($"p_name", $"p_type", IntegerType)(
          (a, b) => a.numChars() + b.numChars()).as("n"),
        (length($"p_name") + length($"p_type")).as("expect"))
    assert(out.filter($"n" =!= $"expect").count() === 0)
  }
}
