package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.col
import graft.SparkTestBase

/** No graft kernel runs inside a higher-order-function lambda. A lambda is
  * CodegenFallback: it evaluates its body interpreted, once per element,
  * and takes its plan node out of whole-stage codegen. For each operator
  * whose per-element fold became a whole-array kernel, this checks the
  * optimized and the physical plan: no `HigherOrderFunction` wraps a
  * kernel call (a `StaticInvoke` of a graft class, or an expression class
  * of graft's own), and every plan node calling a kernel sits inside a
  * `WholeStageCodegenExec`. Adaptive execution is off while the plans are
  * built, so the physical plan holds its codegen stages up front.
  */
class KernelPlanGuardSpec extends SparkTestBase {

  private def isKernelCall(e: Expression): Boolean = e match {
    case s: StaticInvoke => s.staticObject.getName.startsWith("graft.")
    case _ => e.getClass.getName.startsWith("graft.")
  }

  /** Every physical node, cached plans included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case c: InMemoryTableScanExec => nodes(c.relation.cachedPlan)
    case _ => p.children.flatMap(nodes)
  })

  /** The nodes compiled into `w`'s generated function (those below an
    * InputAdapter are outside it). */
  private def span(w: WholeStageCodegenExec): Seq[SparkPlan] = {
    def in(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(in)
    }
    in(w.child)
  }

  /** Kernel calls found under a higher-order function in `es`. */
  private def wrapped(es: Seq[Expression]): Seq[String] =
    es.flatMap(_.collect { case h: HigherOrderFunction => h })
      .filter(_.exists(isKernelCall)).map(_.toString.take(200))

  private def check(name: String, df: => DataFrame): Unit =
    test(s"$name: kernels outside lambdas, inside codegen") {
      val key = "spark.sql.adaptive.enabled"
      val before = spark.conf.get(key)
      spark.conf.set(key, "false")
      try {
        val qe = df.queryExecution
        val logical = wrapped(qe.optimizedPlan.collect { case p => p }
          .flatMap(_.expressions))
        assert(logical.isEmpty, s"lambda around a kernel in the optimized plan:\n" +
          logical.mkString("\n"))
        val all = nodes(qe.executedPlan)
        val physical = wrapped(all.flatMap(_.expressions))
        assert(physical.isEmpty, s"lambda around a kernel in the physical plan:\n" +
          physical.mkString("\n"))
        val calling = all.filter(_.expressions.exists(_.exists(isKernelCall)))
        assert(calling.nonEmpty, s"no kernel call in the plan:\n${qe.executedPlan}")
        val compiled = all.collect { case w: WholeStageCodegenExec => span(w) }.flatten
        val outside = calling.filterNot(n => compiled.exists(_ eq n))
        assert(outside.isEmpty, s"kernel call outside whole-stage codegen:\n" +
          outside.map(_.simpleString(200)).mkString("\n"))
      } finally spark.conf.set(key, before)
    }

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val corpus = Similarity.prepared(
    spark.read.parquet(s"$sf0001/embeddings.parquet"), "embedding", "vec_id")
  private lazy val cents: Seq[Similarity.Cent] = corpus.filter(col("id") < 8)
    .collect().map(r => Similarity.Cent(r.getLong(0),
      r.getSeq[Double](1).toArray, r.getDouble(2))).toSeq
  private lazy val dim = cents.head.cv.length

  check("shingleHashesAll", docs.select(TextOps.shingleHashesAll(col("text"), 3)))
  check("simhashFingerprints", Dedup.simhashFingerprints(docs, "text", "doc_id"))
  check("ngramJaccardPairs token sets",
    Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", threshold = 0.5))
  check("assignCells", Similarity.assignCells(corpus, cents))
  check("assignCellsGrouped", {
    val (groups, cid2gid) = Similarity.groupCentroids(cents, 3)
    Similarity.assignCellsGrouped(corpus, cents, groups, cid2gid, nProbe = 2)
  })
  check("withBuckets", Similarity.withBuckets(corpus, Similarity.planes(6, dim)))
  check("knnIvfFrom probe list",
    Similarity.knnIvfFrom(corpus, cents, Seq(1L, 2L), k = 3, nProbe = 2))
  check("Pq.qtabFor", corpus.select(Pq.qtabFor(col("v"),
    Seq.tabulate(2)(s => Seq.tabulate(3)(c =>
      Array.tabulate(dim / 2)(j => (s + c + j) * 0.1))))))
}
