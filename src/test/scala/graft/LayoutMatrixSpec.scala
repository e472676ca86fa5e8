package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial physical-layout matrix — the Spark analog of the reference's
  * signature test strategy of re-running every operator at Arrow slice
  * offsets {0,3,7,8,9,256} and uneven chunkings
  * (reference tests/conftest.py:141-144, tests/test_algorithms.py:58-66).
  *
  * Every gated query must produce the identical result multiset whether its
  * input tables arrive as 1, 3, or 7 partitions: partition count is an
  * execution detail, never a semantic input. This catches exactly the bug
  * class the reference's fixtures target — ordering sensitivity,
  * zipWithIndex/global-position drift, window-frame boundary effects.
  *
  * Empty input must flow through every plan without crashing (bounded-
  * collect dictionaries simply come out empty).
  */
class LayoutMatrixSpec extends SparkTestBase {

  /** Order-independent but multiplicity-sensitive result fingerprint: row
    * count + SUM of per-row xxhash64 over every output column, accumulated
    * in decimal(38,0) so ANSI long-overflow can't throw. XOR would let any
    * layout bug that duplicates rows an even number of times cancel out;
    * a sum only collides if hash deltas cancel exactly. One aggregate
    * computes both, so each gate executes once per layout; an empty
    * result gives (0, null). */
  private def fingerprint(df: DataFrame): (Long, Any) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(struct(df.columns.map(col): _*)).cast("decimal(38,0)")))
      .head
    (r.getLong(0), r.get(1))
  }

  private def withLayout[A](layout: DataFrame => DataFrame)(body: => A): A =
    try { queries.tableLayout = layout; body }
    finally queries.tableLayout = identity[DataFrame] _

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name: result invariant under input partitioning 1|3|7") {
      val base = withLayout(identity[DataFrame] _)(fingerprint(fn(spark, sf0001)))
      for (p <- Seq(1, 3, 7)) {
        val got = withLayout(_.repartition(p))(fingerprint(fn(spark, sf0001)))
        assert(got === base, s"layout repartition($p) changed the result")
      }
    }

    test(s"$name: plan executes on empty input") {
      withLayout(_.filter(lit(false))) {
        fn(spark, sf0001).count() // any row count is fine; crashing is not
      }
    }
  }
}
