package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.operators.Positional

/** Direct unit coverage for the sampled-splits global-position operator:
  * position correctness against a local sort, null/NaN key placement, and
  * layout invariance (the query gates cover the long-key paths; this pins
  * the floating-point edge the gates never see). The takePositions cases
  * run on 5k-20k rows, so the requested positions span many of its fine
  * buckets, and each equals the number-every-row reference. */
class PositionalSpec extends SparkTestBase {
  import spark.implicits._

  /** `n` rows whose key `k` is a permutation of 0 until n (so a row's
    * position is its key), with payload `v`; three input partitions. */
  private def permuted(n: Long): DataFrame =
    spark.range(0, n, 1, 3)
      .select(pmod($"id" * 7919L, lit(n)).as("k"), ($"id" * 2).as("v"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** takePositions against the reference: number every row, keep the
    * listed positions. Returns the rows. */
  private def takeMatchesReference(df: DataFrame, sortCols: Seq[Column],
      positions: Seq[Long]): Seq[String] = {
    val got = rows(Positional.takePositions(df, sortCols, positions))
    assert(got === rows(Positional.withGlobalPos(df, sortCols, "pos")
      .filter($"pos".isin(positions: _*))))
    got
  }

  /** Built with AQE off, so the static plan is the one that runs. */
  private def staticPlan(df: => DataFrame): SparkPlan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** The shuffle exchanges between the row_number window and the broadcast
    * join that feeds it. */
  private def windowExchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] = {
    def down(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case _: BroadcastHashJoinExec => Nil
      case e: ShuffleExchangeExec => e +: down(e.child)
      case o => o.children.flatMap(down)
    }
    val w = plan.collect {
      case w: WindowExec if w.windowExpression.exists(
        _.toString.contains("row_number")) => w
    }
    assert(w.size === 1, plan)
    down(w.head.child)
  }

  test("positions equal local sort rank for shuffled long keys") {
    val keys = scala.util.Random.shuffle((0L until 500L).toList)
    val df = keys.toDF("k")
    val got = Positional.withGlobalPos(df, Seq($"k"), "pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L until 500L).map(k => k -> k).toMap)
  }

  test("NaN double keys take the top positions (sort-order agreement)") {
    val df = Seq(2.5, Double.NaN, 1.0, 3.5, Double.NaN, 0.5).toDF("k")
    val got = Positional.withGlobalPos(df, Seq($"k"), "pos")
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    val nanPos = got.collect { case (k, p) if k.isNaN => p }.toSet
    val finitePos = got.collect { case (k, p) if !k.isNaN => p }.toSet
    assert(nanPos === Set(4L, 5L), s"NaN at $nanPos") // greatest, like sort
    assert(finitePos === Set(0L, 1L, 2L, 3L))
    // finite section is rank-ordered
    val finite = got.filterNot(_._1.isNaN).sortBy(_._2).map(_._1)
    assert(finite === finite.sorted)
  }

  test("factorize keeps null rows with code -1 (na_sentinel)") {
    val df = Seq(Some("b"), None, Some("a"), Some("b"))
      .toDF("v")
    val out = Positional.factorize(df, "v").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1))
    assert(out.length === 4)
    assert(out.toSet === Set(Some("a") -> 0L, Some("b") -> 1L, None -> -1L))
    assert(out.count(_ == (Some("b") -> 1L)) === 2)
  }

  test("factorizeShuffle assigns the same codes as the dictionary path") {
    val df = (0 until 300).map(i => s"val_${i % 37}").toDF("v")
      .union(Seq.fill(5)(null.asInstanceOf[String]).toDF("v"))
    def codes(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toSet
    assert(codes(Positional.factorizeShuffle(df, "v")) ===
      codes(Positional.factorize(df, "v")))
  }

  test("factorize auto-switches to the shuffle path above maxCategories") {
    val df = Seq("c", "a", "b", "a", null).toDF("v")
    // 3 distinct > maxCategories=2 → shuffle path, same answer
    val out = Positional.factorize(df, "v", maxCategories = 2).collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toSet
    assert(out === Set(Some("a") -> 0L, Some("b") -> 1L, Some("c") -> 2L,
      None -> -1L))
  }

  test("multi-column positions equal local sort rank for composite keys") {
    val rows = scala.util.Random.shuffle(
      (for { a <- 0L until 20L; b <- 0L until 25L } yield (a, b)).toList)
    val df = rows.toDF("a", "b").repartition(5)
    val out = Positional.withGlobalPos(df, Seq($"a", $"b"), "pos")
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = rows.sorted.zipWithIndex
      .map { case (k, i) => k -> i.toLong }.toMap
    assert(got === want)
    // the multi-key path must stay in the declarative plan — no RDD
    // drop-out (the old zipWithIndex fallback showed up as ExistingRDD)
    assert(!out.queryExecution.executedPlan.toString.contains("ExistingRDD"))
  }

  test("multi-column: tie-heavy leading column rides the tie-break") {
    // only 3 distinct leading values — every split lands on a tie, all
    // ordering comes from the second column
    val rows = scala.util.Random.shuffle(
      (0 until 300).map(i => ((i % 3).toLong, i.toLong)).toList)
    val got = Positional.withGlobalPos(rows.toDF("a", "b").repartition(4),
        Seq($"a", $"b"), "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = rows.sorted.zipWithIndex
      .map { case (k, i) => k -> i.toLong }.toMap
    assert(got === want)
  }

  test("takePositions returns exactly the requested ranks") {
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
    val got = Positional.takePositions(df, Seq($"k"), Seq(0L, 42L, 99L))
      .collect().map(r => r.getLong(2) -> r.getLong(0)).toMap
    assert(got === Map(0L -> 0L, 42L -> 42L, 99L -> 99L))
  }

  test("takePositions equals the reference for k from 1 to 64 (20k rows)") {
    val n = 20000L
    val df = permuted(n)
    val r = new scala.util.Random(4)
    for (k <- Seq(1, 2, 7, 23, 64)) {
      val ps = Seq.fill(k)(r.nextLong(n))
      // position == key on this input, so the answer is known exactly
      val got = takeMatchesReference(df, Seq($"k"), ps).map { row =>
        val f = row.stripPrefix("[").stripSuffix("]").split(",")
        f(0).toLong -> f(2).toLong
      }
      assert(got.sorted === ps.distinct.sorted.map(p => p -> p), s"k = $k")
    }
  }

  test("takePositions: duplicate, negative and out-of-range positions") {
    val n = 20000L
    val ps = Seq(5L, 5L, -1L, Long.MinValue, 19999L, 20000L, 1L << 40, 123L,
      123L, 7000L, 0L)
    val got = takeMatchesReference(permuted(n), Seq($"k"), ps)
    assert(got.map(_.split(",").last) ===
      Seq("0]", "123]", "19999]", "5]", "7000]"))
    // positions that match no row: an empty answer with the same columns
    for (none <- Seq(Seq(-3L, n), Seq(-3L), Nil)) {
      val out = Positional.takePositions(permuted(n), Seq($"k"), none)
      assert(out.columns.toSeq === Seq("k", "v", "pos"))
      assert(out.collect().isEmpty, none)
    }
  }

  test("takePositions on an empty frame") {
    val empty = permuted(5000L).filter($"k" < 0)
    assert(takeMatchesReference(empty, Seq($"k"), Seq(0L, 1L, 17L)).isEmpty)
    assert(Positional.takePositions(empty, Seq($"k"), Seq(0L)).columns.toSeq ===
      Seq("k", "v", "pos"))
  }

  test("takePositions: null, NaN and signed-zero double keys") {
    // ties in d are broken by id; nulls sort first, NaN last, -0.0 == 0.0
    val df = spark.range(0, 6000, 1, 3).select(
      when($"id" % 50 === 0, lit(null).cast("double"))
        .when($"id" % 37 === 0, lit(Double.NaN))
        .when($"id" % 41 === 0, lit(-0.0))
        .when($"id" % 43 === 0, lit(0.0))
        .otherwise(pmod($"id" * 7919L, lit(6000L)) / 7.0 - 300.0).as("d"),
      $"id")
    val sortCols = Seq($"d", $"id")
    val nulls = (0L until 6000L).count(_ % 50 == 0).toLong
    val firstNaN =
      6000L - (0L until 6000L).count(i => i % 37 == 0 && i % 50 != 0)
    val ps = Seq(0L, 1L, nulls - 1, nulls, nulls + 1, 3000L, firstNaN - 1,
      firstNaN, firstNaN + 1, 5999L) ++ new scala.util.Random(5).shuffle((0L until 6000L).toList)
      .take(40)
    val got = takeMatchesReference(df, sortCols, ps)
    // the reference order, from one global sort
    val sorted = df.orderBy($"d".asc_nulls_first, $"id").collect()
      .map(r => s"[${r.get(0)},${r.getLong(1)}").zipWithIndex
    val want = ps.distinct.map(p => sorted(p.toInt)).map { case (r, i) =>
      s"$r,$i]" }.sorted
    assert(got === want)
    assert(got.count(_.startsWith("[null,")) >= 3)
    assert(got.count(_.startsWith("[NaN,")) >= 3)
  }

  test("takePositions: composite keys with a tie-heavy leading column") {
    // 3 distinct leading values for 12k rows: the fine buckets collapse
    // onto the ties, the second column orders everything inside them
    val df = spark.range(0, 12000, 1, 3)
      .select(($"id" % 3).as("a"), pmod($"id" * 7919L, lit(12000L)).as("b"))
    val ps = Seq(0L, 3999L, 4000L, 4001L, 7999L, 8000L, 11999L) ++
      new scala.util.Random(6).shuffle((0L until 12000L).toList).take(40)
    val got = takeMatchesReference(df, Seq($"a", $"b"), ps)
    assert(got.size === ps.distinct.size)
  }

  test("takePositions shuffles only the buckets that hold a position") {
    val n = 1L << 16
    val ps = Seq(3L, 4000L, 4001L, 17000L, 30000L, 41234L, 65000L, 65535L)
    val written = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val sc = spark.sparkContext
    val df = permuted(n)
    org.apache.spark.graft.ListenerBus.drain(sc)
    sc.addSparkListener(l)
    val got = try {
      val out = Positional.takePositions(df, Seq($"k"), ps).collect()
      org.apache.spark.graft.ListenerBus.drain(sc)
      out
    } finally sc.removeSparkListener(l)
    assert(got.map(_.getLong(2)).sorted.toSeq === ps)
    // every exchange of the take together (split points, offsets, window)
    // writes ≤ N/4 records; numbering every row writes all N in the window
    assert(written.get <= n / 4, s"${written.get} shuffle records written")
    // the fine buckets ride one exchange under the window
    val ex = windowExchanges(
      staticPlan(Positional.takePositions(df, Seq($"k"), ps)))
    assert(ex.map(_.outputPartitioning.getClass) ===
      Seq(classOf[ShufflePartitionIdPassThrough]))
  }

  test("withGlobalPos places bucket b on reducer b, under one exchange") {
    val n = 8000L
    val out = Positional.withGlobalPos(permuted(n), Seq($"k"), "pos")
    val ex = windowExchanges(
      staticPlan(Positional.withGlobalPos(permuted(n), Seq($"k"), "pos")))
    assert(ex.map(_.outputPartitioning) match {
      case Seq(p: ShufflePartitionIdPassThrough) => p.numPartitions == 4
      case _ => false
    }, ex)
    // each of the 4 reducers holds one contiguous run of positions, in
    // bucket order, of about n/4 rows (hash placement left reducers empty)
    val perReducer = out.rdd.mapPartitions { it =>
      val ps = it.map(_.getLong(2)).toArray
      Iterator((ps.length, if (ps.isEmpty) -1L else ps.min,
        if (ps.isEmpty) -1L else ps.max))
    }.collect().toSeq
    assert(perReducer.size === 4)
    assert(perReducer.forall { case (c, lo, hi) => c > 0 && hi - lo + 1 == c },
      perReducer)
    assert(perReducer.map(_._2) === perReducer.map(_._2).sorted)
    assert(perReducer.map(_._1).sum === n)
    assert(perReducer.forall(_._1 <= n / 2), perReducer)
  }
}
